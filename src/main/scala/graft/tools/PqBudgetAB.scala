package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.VectorOps

/** A/B instrument for the PQ code-budget schedule (r15 verdict #2): for
  * each K on the power-of-two ladder (M fixed at the dim schedule),
  * train books, encode the corpus, run the global ADC top-5 and report
  * recall against the exact-cosine brute top-5 — the measured
  * recall-vs-budget curve that justifies (or indicts) where
  * [[VectorOps.pqCodebookFor]] puts the ladder step for a given corpus.
  * Off-schedule K values are deliberately reachable here (that is the
  * point of an A/B instrument); production paths only ever use the
  * schedule. Findings land in SCALING.md.
  *
  * Usage: runMain graft.tools.PqBudgetAB <sfDir> [nQueries]
  */
object PqBudgetAB {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: PqBudgetAB <sfDir> [nQueries]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val nq = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Session.local(32)
    graft.functions.GraftFunctions.register(spark)

    val e = graft.Caching.persist(
      Tables.spread(spark, Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding")))
    val n = e.count()
    val dim = e.select(size(col("embedding"))).limit(1).collect()(0).getInt(0)
    val m = VectorOps.pqSubspacesFor(dim)
    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val wB = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val brute = e
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("cosine_sim(qe, embedding)").as("sim"))
      .withColumn("rk", row_number().over(wB)).filter(col("rk") <= 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recallAtK(k: Int): Double = {
      val books = VectorOps.trainPqCodebooks(spark, e, dim / m, m, k)
      val codes = VectorOps.pqEncode(e, books, dim / m, m)
      val lut = VectorOps.pqLut(
        queries.select(col("query_id").as("vec_id"),
          col("qe").as("embedding")), books, dim / m, m, k)
      val wA = Window.partitionBy("query_id")
        .orderBy(col("adc").asc, col("neighbor_id"))
      val got = codes
        .join(broadcast(lut), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          VectorOps.pqAdc(m, k).as("adc"))
        .withColumn("rk", row_number().over(wA)).filter(col("rk") <= 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.intersect(got).size.toDouble / brute.size
    }

    val ladder = Seq(16, 32, 64, 128, 256)
    val rows = ladder.map(k => s""""$k":${recallAtK(k)}""")
    val sched = VectorOps.pqCodebookFor(n)
    println(s"""{"tool":"PqBudgetAB","sf_dir":"$sfDir","n":$n,"dim":$dim,""" +
      s""""m":$m,"scheduled_k":$sched,"recall_at_5_by_k":{${rows.mkString(",")}}}""")
    e.unpersist()
    spark.stop()
  }
}
