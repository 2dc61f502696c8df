package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans and Spark counters of one benchmark run.
  *
  * A span is (id, operation, name, parent, start, end); spans of one
  * operation share its id, and every Spark job an operation launches —
  * also the ones launched eagerly while its plan is being built — carries
  * the operation's job tag, so the listener files the job's task metrics
  * under that operation. Disabled, a trace records nothing and adds no
  * tags or listener, which is how end-to-end numbers are measured.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Long, op: Long, name: String, parent: Long,
      startNs: Long, endNs: Long)

  /** Task counters summed over every job carrying one tag. */
  final class Work {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]() // per stage
  }

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Long, Long)]() // (span id, op id)
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val work = mutable.Map[String, Work]()

  private val jobCount = new AtomicLong(0)

  /** Jobs started so far, tagged or not. */
  def jobs: Long = { if (enabled) org.apache.spark.perfbench.Bus.drain(sc); jobCount.get }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet()
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty(org.apache.spark.perfbench.Bus.JobTagsKey))).getOrElse("")
      tags.split(",").find(_.startsWith(Trace.TagPrefix)).foreach { t =>
        e.stageIds.foreach(s => stageTag.put(s, t))
        work.synchronized(work.getOrElseUpdate(t, new Work).jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = stageTag.get(e.stageId)
      val m = e.taskMetrics
      if (t != null && m != null) work.synchronized {
        val w = work.getOrElseUpdate(t, new Work)
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` as one operation: a root span named `name` and, when
    * tracing, a job tag that every job `f` launches carries. Returns the
    * operation id (0 when disabled) with the result.
    */
  def op[T](name: String)(f: => T): (Long, T) = {
    if (!enabled) return (0L, f)
    val opId = ids.incrementAndGet()
    val tag = s"${Trace.TagPrefix}$opId"
    sc.addJobTag(tag)
    try (opId, withSpan(name, opId)(f))
    finally sc.removeJobTag(tag)
  }

  /** A child span of the innermost open span (no-op when disabled). */
  def span[T](name: String)(f: => T): T =
    if (!enabled || stack.isEmpty) f else withSpan(name, stack.top._2)(f)

  private def withSpan[T](name: String, opId: Long)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = if (stack.isEmpty) 0L else stack.top._1
    stack.push((id, opId))
    val t0 = System.nanoTime()
    try f
    finally {
      stack.pop()
      spans += Span(id, opId, name, parent, t0, System.nanoTime())
    }
  }

  /** Work of one operation, after the listener bus has drained. */
  def workOf(opId: Long): Work = {
    org.apache.spark.perfbench.Bus.drain(sc)
    work.synchronized(work.getOrElse(s"${Trace.TagPrefix}$opId", new Work))
  }

  /** Work of every traced operation so far. */
  def total: Work = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val t = new Work
    work.synchronized(work.values.foreach { w =>
      t.jobs += w.jobs; t.tasks += w.tasks; t.cpuNs += w.cpuNs
      t.shuffleWriteBytes += w.shuffleWriteBytes
      t.shuffleWriteRecords += w.shuffleWriteRecords
      t.spillBytes += w.spillBytes; t.gcMs += w.gcMs
    })
    t
  }

  def spansJson: String = Json.arr(spans.toSeq.map(s => Json.obj(
    "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Trace {
  val TagPrefix = "perfbench-op-"
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean) => n.toString
    case t: java.sql.Timestamp => str(t.toInstant.toString)
    case t: java.time.Instant => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case d: java.time.LocalDate => str(d.toString)
    case a: Array[Byte] => str(a.map(x => f"${x & 0xff}%02x").mkString)
    case r: org.apache.spark.sql.Row => arr(r.toSeq.map(value))
    case m: scala.collection.Map[_, _] =>
      "{" + m.toSeq.map { case (k, x) => str(String.valueOf(k)) + ":" + value(x) }
        .mkString(",") + "}"
    case s: Iterable[_] => arr(s.toSeq.map(value))
    case a: Array[_] => arr(a.toSeq.map(value))
    case raw: Raw => raw.json
    case o => str(o.toString)
  }

  final case class Raw(json: String)

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
