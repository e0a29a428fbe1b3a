package graft.tools

import graft.SparkEntry

/** Perf scratchpad: time one or more registered queries with repeats.
  * Usage: runMain graft.tools.ProfileQ <sfDir> <reps> <name> [<name>...]
  * Prints per-rep seconds so warmup vs steady-state is visible (Bench's
  * single-shot numbers fold codegen/JIT into whichever query runs first).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: ProfileQ <sfDir> <reps> <name> [<name>...]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.Session.local(32)
    for (name <- names) {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // cache teardown stays OUTSIDE the timed region. BOTH caches
        // (r18): clearCache alone leaves the SharedPlans frame memo
        // holding checkpoint-rooted frames (CC labels, cooccur edges)
        // whose RDD blocks clearCache cannot drop — reps 2+ of any
        // shared-frame query then measure a warm probe (q_split_leakage
        // read 0.3s vs its 3.8s true cost), which is NOT what the bench
        // records (it clears the memo between reps — iid).
        spark.catalog.clearCache()
        graft.SharedPlans.clearFrames(spark)
        dt
      }
      println(f"[profile] $name: ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}
