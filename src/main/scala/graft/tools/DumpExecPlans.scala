package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dump the EXECUTED physical plan of every action a registered query
  * runs — the plan evidence `explain` cannot show for the iterative
  * operators (PageRank / k-means / CC materialize each round as its own
  * localCheckpoint or collect action, so the final frame's explain is
  * just a checkpoint scan). One file argument set, plans to stdout:
  *
  *   runMain graft.tools.DumpExecPlans <sfDir> <name> [<name>...]
  *
  * Honors SPARK_GRAFT_CPUS (the Bench convention) so captured plans show
  * the same Exchange partitioning the bench executes. */
object DumpExecPlans {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: DumpExecPlans <sfDir> <name> [<name>...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val spark = graft.Session.local(32, "ERROR")
    val plans = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized {
          plans += ((funcName, qe.explainString(
            org.apache.spark.sql.execution.FormattedMode), durationNs / 1e9))
        }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    for (q <- args.drop(1)) {
      plans.synchronized(plans.clear())
      println(s"==== $q ====")
      graft.SparkEntry.queries(q)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      // listener events are posted asynchronously; a FIXED sleep silently
      // dropped late-posted plans on a loaded host (r17 ADVICE). The bus
      // drain API is private[spark], so poll until the captured-plan
      // count is stable for three consecutive ticks (bounded at 30s).
      var last = -1; var stable = 0
      val t0 = System.currentTimeMillis()
      while (stable < 3 && System.currentTimeMillis() - t0 < 30000) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      plans.synchronized {
        plans.zipWithIndex.foreach { case ((fn, p, secs), i) =>
          println(f"---- action ${i + 1} [$fn] $secs%.3fs ----")
          println(p)
        }
      }
      spark.catalog.clearCache()
      graft.SharedPlans.clearFrames(spark)
    }
    spark.stop()
  }
}
