package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins Bench.benchLine — the JSON line the bench prints — on synthetic
  * timings, without starting Spark: the line fits `PrintBudget`, parses,
  * sums every non-failed query's min-of-sweeps into `value`, lists a
  * thrown query under `failed` only, and drops the fastest queries first.
  */
class BenchLineSpec extends AnyFunSuite {
  import Bench._

  // 130 queries with distinct times; q042 threw in its second sweep
  private val timings = (0 until 130).map { i =>
    val sec = 0.05 + ((i * 37) % 130) * 0.021
    val sweeps =
      if (i == 42) Seq(sec, Double.NaN)
      else if (i % 2 == 0) Seq(sec * 1.1, sec)
      else Seq(sec, sec * 1.3)
    Timing(f"q$i%03d_query", sweeps, Seq(0L, 0L))
  }
  private val failedName = "q042_query"
  private val ok = timings.filterNot(_.name == failedName)
  private val heap = Some(Latency(3032.4, 4100.6, 120))

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def printedQueries(json: JsonNode): Map[String, Double] =
    json.get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap

  test("the line fits PrintBudget and parses with exactly the published keys") {
    val line = benchLine(timings, heap, None, "/data/sf0.1")
    assert(line.length <= PrintBudget)
    val json = parse(line)
    assert(json.fieldNames().asScala.toSet == Set("metric", "value", "unit",
      "queries", "failed", "failed_count", "stream_p50_ms", "stream_p99_ms",
      "stream_n", "stream_p50_ms_rocksdb", "stream_p99_ms_rocksdb",
      "stream_n_rocksdb", "sf"))
    assert(json.get("stream_p50_ms").asDouble == 3032.0)
    assert(json.get("stream_p99_ms").asDouble == 4101.0)
    assert(json.get("stream_n").asInt == 120)
    assert(json.get("stream_p50_ms_rocksdb").asDouble == 0.0)
    assert(json.get("stream_n_rocksdb").asInt == 0)
    assert(json.get("sf").asText == "/data/sf0.1")
  }

  test("value sums the non-failed minima; the failed query is only in failed") {
    val json = parse(benchLine(timings, heap, heap, "sf"))
    val expected = ok.map(_.passesSec.min).sum
    assert(math.abs(json.get("value").asDouble - expected) < 0.0005)
    assert(json.get("failed").elements().asScala.map(_.asText).toSeq ==
      Seq(failedName))
    assert(json.get("failed_count").asInt == 1)
    assert(!printedQueries(json).contains(failedName))
  }

  test("queries keeps the slowest entries; an unbounded line keeps them all") {
    val printed = printedQueries(parse(benchLine(timings, heap, None, "sf")))
    assert(printed.nonEmpty && printed.size < ok.size)
    val (kept, dropped) = ok.partition(t => printed.contains(t.name))
    assert(kept.map(_.best).min > dropped.map(_.best).max)
    kept.foreach(t => assert(math.abs(printed(t.name) - t.best) < 0.0005))
    val all = printedQueries(parse(
      benchLine(timings, heap, None, "sf", budget = Int.MaxValue)))
    assert(all.keySet == ok.map(_.name).toSet)
  }
}
