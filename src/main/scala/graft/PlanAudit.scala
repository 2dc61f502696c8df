package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange._
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan census over every driver-contract query: counts the
  * plan features that matter at 100 TB (shuffles, join strategies,
  * windows, top-K operators) and writes `PLANS.md`. Run:
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"
  *
  * The table makes plan regressions reviewable in diffs the same way
  * CORRECTNESS json makes result regressions reviewable — a query
  * suddenly gaining an exchange or losing a broadcast shows up as a
  * one-line change. It exits 1 on a partition-less window, or on a query
  * that does not order its own result: below projections and codegen
  * wrappers each plan must end in a global sort or TakeOrdered (one-row
  * global aggregates and queries that fail to plan are exempt).
  */
object PlanAudit {
  private def ordered(p: SparkPlan): Boolean = p match {
    case s: SortExec => s.global
    case _: TakeOrderedAndProjectExec => true
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: ProjectExec | _: WholeStageCodegenExec | _: InputAdapter =>
      ordered(p.children.head)
    case _ => false
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // AQE off: the census reads the static plan (AdaptiveSparkPlanExec
    // hides its subtree from collect, and AQE's runtime choices depend
    // on sizes — the static shape is the reviewable contract)
    val spark = Sessions.builder("local[4]", 8)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val unordered = Seq.newBuilder[String]
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        spark.catalog.clearCache()
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        def count(f: PartialFunction[SparkPlan, Boolean]): String =
          plan.collect { case n if f.applyOrElse(n, (_: SparkPlan) => false) =>
            n }.size.toString
        if (!ordered(plan)) unordered += name
        Seq(name,
          count { case _: ShuffleExchangeExec => true },
          count { case _: BroadcastExchangeExec => true },
          count { case _: SortMergeJoinExec => true },
          count { case _: BroadcastHashJoinExec |
            _: BroadcastNestedLoopJoinExec => true },
          count { case _: WindowExec => true },
          count { case w: WindowExec => w.partitionSpec.isEmpty },
          count { case _: TakeOrderedAndProjectExec => true },
          count { case s: SortExec => s.global })
      } catch {
        case e: Throwable =>
          Seq(name, "-", "-", "-", "-", "-", "-", "-",
            e.getClass.getSimpleName)
      }
    }

    val header = Seq("query", "shuffles", "broadcasts", "SMJ", "BHJ/BNLJ",
      "windows", "partition-less!", "TakeOrdered", "global sorts")
    val md = new StringBuilder
    md ++= "# Physical-plan census (PlanAudit)\n\n"
    md ++= s"Input: `$sfDir` (plan shapes only — sizes don't change the " +
      "census except where AQE flips a join; the partition-less-window " +
      "column must stay 0 everywhere, also enforced by PlanShapeSpec).\n\n"
    md ++= header.mkString("| ", " | ", " |\n")
    md ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
    rows.foreach(r => md ++= r.mkString("| ", " | ", " |\n"))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(md.toString) finally w.close()
    println(s"wrote $out (${rows.length} queries)")
    val offenders = Seq(
      "PARTITION-LESS WINDOWS" ->
        rows.filter(r => r(6) != "0" && r(6) != "-").map(_.head),
      "UNORDERED RESULTS" -> unordered.result()).filter(_._2.nonEmpty)
    offenders.foreach { case (what, qs) => println(s"$what: ${qs.mkString(", ")}") }
    if (offenders.nonEmpty) sys.exit(1)
    spark.stop()
  }
}
