package graft.tools

import org.apache.spark.sql.functions.col

/** A/B instrument for the sampled-recall dial (r14 verdict #6): the
  * q_ann_recall_sampled scaladoc claims the cut-before-search saving
  * grows with the query count Q — at the registered 10-query fixture the
  * corpus-side stages (signatures, Lloyd training, PQ encode) dominate
  * and the measured saving is small, so the claim needed a MEASUREMENT
  * at a Q where the query-proportional work (brute Q x N scoring, probe
  * fan-out, LUTs, re-ranks) is visible. This runs the full recall
  * artifact vs the sampled one over a WIDENED query universe
  * (vec_id < Q) on the given fixture, interleaved reps, min-of reps per
  * arm, and prints one JSON line. Frames share under @dialQ<Q> keys —
  * disjoint from the registered queries' — and both caches are cleared
  * between reps (the Bench iid discipline). Findings land in SCALING.md.
  *
  * Usage: runMain graft.tools.RecallDialAB <sfDir> <Q> <sampleN> [reps]
  */
object RecallDialAB {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: RecallDialAB <sfDir> <Q> <sampleN> [reps]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val q = args(1).toInt
    val sampleN = args(2).toInt
    val reps = if (args.length > 3) args(3).toInt else 2
    val spark = graft.Session.local(32)

    val basePred = col("vec_id") < q
    def arm(sample: Option[Int]): Double = {
      val t0 = System.nanoTime()
      graft.operators.VectorOps
        .annRecall(spark, sfDir, sample, basePred, s"@dialQ$q")
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      graft.SharedPlans.clearFrames(spark)
      dt
    }
    // warmup pays codegen/JIT once so neither arm inherits it
    arm(None)
    // interleaved reps: a host spike hits both arms, not one
    val pairs = (1 to reps).map(_ => (arm(None), arm(Some(sampleN))))
    val full = pairs.map(_._1).min
    val sampled = pairs.map(_._2).min
    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", v)
    println(s"""{"metric":"recall_dial_ab","sf":"$sfDir","q":$q,""" +
      s""""sample_n":$sampleN,"reps":$reps,"full_sec":${num(full)},""" +
      s""""sampled_sec":${num(sampled)},"ratio":${num(sampled / full)}}""")
    spark.stop()
  }
}
