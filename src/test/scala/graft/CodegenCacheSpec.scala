package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.scalatest.funsuite.AnyFunSuite

/** The generated-code cache holds a working set larger than Spark's
  * default 100 entries: a repeated set of query shapes is compiled once,
  * not on every round.
  */
class CodegenCacheSpec extends AnyFunSuite with SparkSpecBase {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("Sessions.builder sizes the codegen cache") {
    SparkSession.setActiveSession(spark)
    assert(SQLConf.get.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) ==
      Sessions.CodegenCacheEntries)
  }

  test("Sessions.builder keeps stage ids out of generated class names") {
    // with ids in the names, a plan whose stage ids vary between runs
    // compiles the same code again on every run
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second round of 150 distinct generated classes compiles nothing") {
    // the multiplier is inlined into the generated source, so each query
    // is its own class; at 100 entries the LRU misses on all 150 every
    // round
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(8).select((col("id") * i).as("x")).collect()
    }
    val c0 = compiles()
    round()
    val c1 = compiles()
    assert(c1 - c0 >= 150)
    round()
    assert(compiles() - c1 == 0)
  }
}
