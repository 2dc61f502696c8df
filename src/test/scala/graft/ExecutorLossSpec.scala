package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executor loss mid-query: one operator per family (dedup, text,
  * similarity, multimodal) must return the undisturbed rows after the
  * executor holding its materialized intermediates is killed — the
  * lineage-keeping materialization recomputes the lost blocks, where a
  * `localCheckpoint` would fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
  * Runs [[ExecutorLossCheck]] in a child JVM on a `local-cluster` master.
  */
class ExecutorLossSpec extends AnyFunSuite with SparkSpecBase {

  test("ops survive executor loss after eager materialization") {
    assume(sys.env.contains("SPARK_HOME"),
      "SPARK_HOME unset: local-cluster workers cannot launch executors")
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
      jvmOpts ++ Seq("-cp", System.getProperty("java.class.path"),
        "graft.ExecutorLossCheck", sf)
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(
      l => out.synchronized(out ++= l + "\n"),
      l => out.synchronized(out ++= l + "\n"))
    // The workers launch executors from SPARK_HOME's jars and write
    // their logs under SPARK_HOME/work: point them at a scratch home
    // whose jars link to the real distribution, so the run writes
    // nothing into the installation.
    val home = java.nio.file.Files.createTempDirectory("graft-executor-loss")
    java.nio.file.Files.createSymbolicLink(home.resolve("jars"),
      java.nio.file.Paths.get(sys.env("SPARK_HOME"), "jars"))
    // the executor launcher resolves the jars directory by Scala
    // version; spark-submit's env script normally exports it
    val scalaBinary = scala.util.Properties.versionNumberString
      .split('.').take(2).mkString(".")
    val proc = scala.sys.process.Process(cmd, None,
      "SPARK_HOME" -> home.toString,
      "SPARK_SCALA_VERSION" -> scalaBinary).run(log)
    val exit =
      try scala.concurrent.Await.result(
        scala.concurrent.Future(proc.exitValue())(
          scala.concurrent.ExecutionContext.global),
        scala.concurrent.duration.Duration(10, "min"))
      catch { case e: java.util.concurrent.TimeoutException =>
        proc.destroy(); throw e }
      finally {
        // unlink the jars link first: the walk below must never reach
        // the real distribution
        java.nio.file.Files.delete(home.resolve("jars"))
        val tree = java.nio.file.Files.walk(home)
        try tree.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally tree.close()
      }
    val text = out.synchronized(out.toString)
    assert(exit == 0, s"executor-loss check failed:\n$text")
    for (family <- Seq("dedup", "text", "similarity", "multimodal"))
      assert(text.linesIterator.contains(s"ok $family"), text)
  }
}
