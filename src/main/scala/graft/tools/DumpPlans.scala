package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Regenerates PLANS.md: the formatted physical plan of EVERY registered
  * query at sf0.001, for plan-shape review without running Spark.
  * CoverageLedgerSpec pins PLANS.md's section set equal to the live
  * registry, so a new operator cannot ship without its plan on record.
  * Usage: sbt "runMain graft.tools.DumpPlans" */
object DumpPlans {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(4, "ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every registered query (sf0.001)\n\n")
    sb.append("Generated by `sbt \"runMain graft.tools.DumpPlans\"`; one\n")
    sb.append("section per entry of `SparkEntry.queries` (count asserted by\n")
    sb.append("CoverageLedgerSpec). The shapes to look for: partial+final\n")
    sb.append("HashAggregate around one exchange, BroadcastHashJoin for dim\n")
    sb.append("joins, PushedFilters / pruned ReadSchema at every FileScan,\n")
    sb.append("`*(n)` codegen spans. Queries with driver-side schedule loops\n")
    sb.append("(k-means training, BPE merge rounds, rank quantiles) show the\n")
    sb.append("FINAL plan; the loop's per-round jobs are bounded metadata\n")
    sb.append("collects documented in their scaladoc.\n")
    names.foreach { name =>
      // q_metrics_funnel's builder is eager by contract (it must run the
      // funnel to return the metrics table); dump the lazy instrumented
      // plan — the plan that actually executes — instead
      val df =
        if (name == "q_metrics_funnel")
          graft.operators.CurationOps
            .instrumentedFunnel(spark, "/root/testdata/sf0.001")._1
        else SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${names.size} queries)")
    spark.stop()
  }
}
