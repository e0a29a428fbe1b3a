package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.DedupOps
import graft.sources.{DedupIndex, StorageOps}

/** The driver-answered small-batch probe of
  * [[DedupOps.crossDedupBestFromIndex]] against the distributed plan it
  * replaces (`pruneRowLimit = 0` forces that plan): identical rows and
  * schema on hits, misses, an empty batch, flooded buckets under a small
  * explicit cap (refine on and off), a family-3 escalated artifact and a
  * legacy parts = 0 layout; a batch whose bucket is wider than the
  * driver's row bound falls back to the distributed plan. A 4-doc probe
  * runs at most six Spark jobs and leaves no cache behind. */
class SmallProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def cacheEmpty: Boolean = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.isEmpty
  private def rows(df: DataFrame) = df.collect().toSeq.map(r =>
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
  private def texts(docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  /** Rows of the small path, after checking they equal the distributed
    * plan's and that the small path left no cache entry. */
  private def parity(dir: String, batch: DataFrame,
      cap: Long = DedupOps.LshBucketCap,
      refine: Boolean = true): Seq[(Long, Long, Double, Boolean)] = {
    spark.catalog.clearCache()
    val small = DedupOps.crossDedupBestFromIndex(spark, dir, batch, cap, refine)
    assert(cacheEmpty, "the small path left a cache entry")
    val full = DedupOps.crossDedupBestFromIndex(spark, dir, batch, cap,
      refine, pruneRowLimit = 0L)
    val got = rows(small)
    assert(got == rows(full), "small path differs from the distributed plan")
    assert(small.schema == full.schema)
    spark.catalog.clearCache()
    got
  }

  // the even half as the index; odd docs with and without a match there
  private lazy val evenDir = {
    val dir = tmp("graft-small-even")
    DedupIndex.publishFrom(spark,
      Tables.documents(spark, d).filter(col("doc_id") % 2 === 0), dir)
    dir
  }
  private lazy val (hitIds, missIds) = {
    val hits = DedupOps.crossDedupBestFromIndex(spark, evenDir,
        DedupOps.docHashes(spark, d).filter(col("doc_id") % 2 === 1),
        pruneRowLimit = 0L)
      .collect().map(_.getLong(0)).toSeq
    spark.catalog.clearCache()
    assert(hits.size >= 2, s"fixture holds too few cross pairs: $hits")
    (hits.take(2), (1L to 99L by 2).filterNot(hits.contains).take(2))
  }
  private def oddBatch(ids: Seq[Long]): DataFrame =
    DedupOps.docHashesOf(spark, Tables.documents(spark, d)
      .filter(col("doc_id").isin(ids: _*)).select("doc_id", "text"))

  test("hits and misses: the small path equals the distributed plan") {
    val got = parity(evenDir, oddBatch(hitIds ++ missIds))
    assert(got.map(_._1) == hitIds.sorted, s"matched ${got.map(_._1)}")
    assert(got.forall(r => r._3 >= 0.8 && !r._4))
  }

  test("an empty batch answers empty on both paths") {
    assert(parity(evenDir, oddBatch(Seq(-1L))).isEmpty)
  }

  test("a 4-doc probe runs at most six jobs and leaves no cache") {
    val batch = oddBatch(hitIds ++ missIds)
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    DedupOps.crossDedupBestFromIndex(spark, evenDir, batch).collect()
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(" + "))
    }
    val pinnedBefore = sc.getPersistentRDDs.keySet
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val got = DedupOps.crossDedupBestFromIndex(spark, evenDir, batch)
        .collect()
      assert(got.length == hitIds.size)
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.size <= 6, s"a 4-doc probe ran ${jobs.size} jobs: $jobs")
    assert(cacheEmpty, "the probe left a CacheManager entry")
    assert(sc.getPersistentRDDs.keys.forall(pinnedBefore),
      "the probe left a persistent RDD")
  }

  // CrossDedupSpec's flood: a 200-token prefix shared by every doc, so
  // at cap = 1 the prefix and suffix buckets flood; the probe's twin 907
  // hides behind the star representative 900 unless refined
  private val prefix = (0 until 200).map(i => s"w$i").mkString(" ")
  private lazy val floodDir = {
    val dir = tmp("graft-small-flood")
    DedupIndex.publishFrom(spark, texts(
      (100L to 109L).map(id => (id, prefix)) ++
        (0 until 5).map(i => (900L + i, s"$prefix sx1 sx2 sx3 u$i")) ++
        Seq((907L, s"$prefix sx1 sx2 sx3"), (300L, s"$prefix zz1 zz2 zz3"))),
      dir)
    dir
  }
  private def floodProbe = DedupOps.docHashesOf(spark,
    texts(Seq((1L, s"$prefix sx1 sx2 sx3"), (2L, "nothing like the corpus at all"))))

  test("flooded buckets under a small cap: refine on recovers the twin, " +
      "off keeps the representative, both flagged like the distributed plan") {
    val refined = parity(floodDir, floodProbe, cap = 1L, refine = true)
    assert(refined == Seq((1L, 907L, 1.0, true)), refined.toString)
    val capped = parity(floodDir, floodProbe, cap = 1L, refine = false)
    assert(capped.map(r => (r._1, r._2, r._4)) == Seq((1L, 900L, true)),
      capped.toString)
  }

  test("a family-3 escalated artifact: the batch signs at the recorded family") {
    val root = s"${tmp("graft-small-esc")}/root"
    DedupIndex.publishVersionedFrom(spark,
      Tables.documents(spark, d).filter(col("doc_id") % 2 === 0), root)
    assert(DedupIndex.escalateBandFamily(spark, root) == 3)
    val dir = StorageOps.currentDir(spark, root)
    val got = parity(dir, oddBatch(hitIds ++ missIds))
    assert(got.map(_._1) == hitIds.sorted, s"matched ${got.map(_._1)}")
  }

  test("a legacy parts = 0 layout: the lookups scan whole, key-filtered") {
    val dir = tmp("graft-small-legacy")
    DedupIndex.loadDocs(spark, evenDir).write.parquet(s"$dir/docs")
    DedupIndex.loadBands(spark, evenDir).write.parquet(s"$dir/bands")
    val m = DedupIndex.loadMeta(spark, evenDir)
    StorageOps.writeMeta(spark, dir, m.copy(parts = 0, probemod = 0L))
    assert(DedupIndex.loadMeta(spark, dir).parts == 0)
    val got = parity(dir, oddBatch(hitIds ++ missIds))
    assert(got.map(_._1) == hitIds.sorted, s"matched ${got.map(_._1)}")
  }

  test("a bucket wider than the driver's row bound falls back to the " +
      "distributed plan") {
    // LshBucketCap + 1 identical docs: every band bucket of the probe is
    // one row too wide for the driver to hold whole
    val n = DedupOps.LshBucketCap + 1
    val dir = tmp("graft-small-overflow")
    DedupIndex.publishFrom(spark, texts((1L to n).map(id => (id, prefix))), dir)
    val probe = DedupOps.docHashesOf(spark, texts(Seq((0L, prefix))))
    spark.catalog.clearCache()
    val got = rows(DedupOps.crossDedupBestFromIndex(spark, dir, probe))
    // the distributed plan persists its band frame; the small path never does
    assert(!cacheEmpty, "the overflowing batch did not take the distributed plan")
    assert(got == Seq((0L, 1L, 1.0, true)), got.toString)
    assert(got == rows(DedupOps.crossDedupBestFromIndex(spark, dir, probe,
      pruneRowLimit = 0L)))
    spark.catalog.clearCache()
  }
}
