package graft.tools

/** Print the formatted physical plan of a registered query — local plan
  * review helper (the PLANS.md generator's interactive sibling). */
object ShowPlan {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8, "ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    for (q <- args.drop(1)) {
      println(s"==== $q ====")
      println(graft.SparkEntry.queries(q)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
