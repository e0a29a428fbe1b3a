package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Both connectedComponents paths (driver union-find and distributed
  * min-label loop) must produce identical labels, including on chain
  * graphs that force multiple propagation rounds. */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def labelsOf(edges: Seq[(Long, Long)], threshold: Long): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(spark, edges.toDF("src", "dst"), threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("local and distributed paths agree on a chain + triangle + isolate pair") {
    // chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L))
    val local = labelsOf(edges, threshold = Long.MaxValue)
    val dist = labelsOf(edges, threshold = 0L)
    assert(local == dist)
    assert((1L to 5L).forall(local(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(local(_) == 10L))
    assert(local(20L) == 20L && local(21L) == 20L)
  }

  test("distributed path matches local on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    assert(labelsOf(edges, Long.MaxValue) == labelsOf(edges, 0L))
  }

  test("pageRank rejects a null edge weight by name instead of reading " +
      "its vertex as dangling") {
    import spark.implicits._
    // vertex 2's only out-edge has a null weight: the folded vertex
    // aggregation would give it a null out-weight, i.e. dangling
    // an RDD-backed frame, not a local relation: the optimizer would fold
    // the weight check over local rows while planning the first persist,
    // and the error must surface at the first action instead
    val edges = spark.sparkContext
      .parallelize(Seq((1L, 2L, Some(1.0)), (2L, 3L, None), (3L, 1L, Some(2.0))))
      .toDF("src", "dst", "w")
    spark.catalog.clearCache()
    val ex = intercept[Exception] {
      GraphOps.pageRank(spark, edges, iters = 2).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toList
    assert(msgs.exists(_.contains("pageRank: null edge weight on edge 2 -> 3")),
      msgs.mkString("\n"))
    // the failure at the first action must not leave the frames pinned
    // before it in the CacheManager
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "pageRank left cached frames behind")
    spark.catalog.clearCache()
  }

  test("q_dedup_cluster output is unchanged by the GraphOps refactor") {
    val out = SparkEntry.queries("q_dedup_cluster")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.forall(_._2 >= 2))
  }
}
