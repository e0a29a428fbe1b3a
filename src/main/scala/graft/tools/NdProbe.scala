package graft.tools
import org.apache.spark.scheduler._
object NdProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val q = if (args.length > 1) args(1) else "q_text_minhash"
    val spark = graft.Session.local(32, "ERROR")
    val stages = scala.collection.mutable.ArrayBuffer[(Int, Long, String, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val dur = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
        stages.synchronized { stages += ((i.stageId, dur, i.name.take(80),
          i.taskMetrics.shuffleWriteMetrics.bytesWritten,
          i.taskMetrics.shuffleReadMetrics.totalBytesRead)) }
      }
    })
    def run(): Unit = graft.SparkEntry.queries(q)(spark, d)
      .write.format("noop").mode("overwrite").save()
    run(); spark.catalog.clearCache(); graft.SharedPlans.clearFrames(spark)
    run(); spark.catalog.clearCache(); graft.SharedPlans.clearFrames(spark)
    stages.synchronized(stages.clear())
    val t0 = System.nanoTime(); run()
    println(f"[nd] total ${(System.nanoTime()-t0)/1e9}%.3f")
    stages.synchronized {
      stages.sortBy(-_._2).take(15).foreach { case (id, dur, nm, sw, sr) =>
        println(f"[nd] stage $id%4d ${dur/1000.0}%7.2fs  w=${sw/1024}%8dKB r=${sr/1024}%8dKB  $nm")
      }
    }
    spark.stop()
  }
}
